package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{PythonUDAF, SubqueryExpression}
import org.apache.spark.sql.catalyst.planning.PhysicalAggregation
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, LogicalPlan, Project}
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.aggregate.{AggUtils, BaseAggregateExec}
import org.apache.spark.sql.execution.datasources.{FileSourceStrategy, HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.graftbridge.{GraftSparkBridge, PartitionGroupedScanExec}
import org.apache.spark.sql.types._

/** Plans an aggregate over a directory-partitioned file table without a
  * shuffle when its grouping keys include every partition column: a
  * planner strategy.
  *
  * Every row of such a group sits in one partition directory, so a task
  * that reads whole directories sees whole groups. ClickHouse relies on
  * the same fact: it never merges rows across partitions, so a FINAL key
  * holds the `PARTITION BY` columns. This covers the [[TopKRewrite]]
  * aggregate behind `Replicate.latestByKey`/`registerWithFinal`, a
  * `collapse*` FINAL, the per-partition stats aggregate of
  * `Mutate.rewriteAffected` and any `GROUP BY p, …`.
  *
  * The child, only `Project`/`Filter` nodes over the relation, is planned
  * by `FileSourceStrategy`; its scan is replaced by a
  * `PartitionGroupedScanExec`, and `AggUtils` plans the partial and the
  * final aggregate over it, which then run in one stage. The strategy
  * keeps that plan only when the scan's partitioning satisfies the final
  * aggregate's distribution, the test `EnsureRequirements` makes.
  *
  * It leaves the aggregate to Spark's own planning when any of these
  * holds:
  *   - the aggregate has a distinct or Python function
  *   - the plan is streaming
  *   - the scan is bucketed
  *   - a partition or data filter holds a subquery (dynamic partition
  *     pruning included): the scan inside the new node is not a plan
  *     child, so its filters would not be prepared
  *   - a partition column is floating-point or a collated string, whose
  *     grouping merges values that distinct directories keep apart
  *   - the largest selected directory is over
  *     `spark.sql.files.maxPartitionBytes`, so no task reads more than
  *     Spark's largest split
  */
case class PartitionWiseAggregate(session: SparkSession) extends SparkStrategy {

  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case a: Aggregate if !a.isStreaming && partitionedRelation(a.child) => a match {
      case PhysicalAggregation(grouping, aggs, results, child)
          if !aggs.exists(f => f.isDistinct || f.aggregateFunction.isInstanceOf[PythonUDAF]) =>
        val keys = GraftSparkBridge.normalizedGroupingKeys(grouping)
        FileSourceStrategy(child).headOption.flatMap(grouped)
          .map(AggUtils.planAggregateWithoutDistinct(keys, aggs, results, _))
          .filter(_.forall(withoutExchange))
          .getOrElse(Nil)
      case _ => Nil
    }
    case _ => Nil
  }

  private def partitionedRelation(plan: LogicalPlan): Boolean = plan match {
    case Project(_, c) => partitionedRelation(c)
    case Filter(_, c) => partitionedRelation(c)
    case l: LogicalRelation => l.relation match {
      case fs: HadoopFsRelation =>
        fs.partitionSchema.nonEmpty && fs.partitionSchema.forall(f => valueGrouped(f.dataType))
      case _ => false
    }
    case _ => false
  }

  /** Types whose grouping equality is value equality. */
  private def valueGrouped(t: DataType): Boolean = t match {
    case ByteType | ShortType | IntegerType | LongType | BooleanType | DateType | TimestampType |
         TimestampNTZType | _: DecimalType => true
    case s: StringType => GraftSparkBridge.binaryEquality(s)
    case _ => false
  }

  /** `child` with its one file scan reading whole directories per task. */
  private def grouped(child: SparkPlan): Option[SparkPlan] =
    child.collect { case s: FileSourceScanExec => s } match {
      case Seq(scan) if !scan.bucketedScan &&
          !(scan.partitionFilters ++ scan.dataFilters).exists(SubqueryExpression.hasSubquery) =>
        val node = PartitionGroupedScanExec(scan)
        if (node.largestDirectoryBytes > session.sessionState.conf.filesMaxPartitionBytes) None
        else Some(child.transformUp { case s if s eq scan => node })
      case _ => None
    }

  /** True when each aggregate's input already has the distribution it needs. */
  private def withoutExchange(plan: SparkPlan): Boolean = plan.collect {
    case a: BaseAggregateExec => a.child.outputPartitioning.satisfies(a.requiredChildDistribution.head)
  }.forall(identity)
}
