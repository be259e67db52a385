package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{CoalesceExec, FilterExec, ProjectExec, SortExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AQEShuffleReadExec, ShuffleQueryStageExec}
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.exchange.{ENSURE_REQUIREMENTS, ShuffleExchangeExec}
import org.apache.spark.sql.internal.SQLConf

/** Sorts a small aggregate in its final task instead of range-shuffling
  * it: an AQE query-stage prep rule.
  *
  * A root `GROUP BY … ORDER BY` plans as `Sort ← Exchange(range) ←
  * Aggregate ← Exchange(hash) ← …`. The range exchange costs two jobs
  * of its own — the `RangePartitioner` samples the aggregate, then the
  * exchange's map stage writes it — and when the aggregate is a few KB
  * AQE reads the exchange back as one partition anyway. This rule puts
  * `CoalesceExec(1, child)` in its place, so the aggregate and the sort
  * run in the result stage's one task.
  *
  * It fires only when all of these hold:
  *   - partition coalescing is on, for the final stage too
  *   - the plan root is a global `SortExec`, alone or under one
  *     `ProjectExec` (an ORDER BY column that is not selected)
  *   - the sort's child is a `ShuffleExchangeExec` with
  *     `RangePartitioning` and origin `ENSURE_REQUIREMENTS`, so a
  *     `repartitionByRange` write keeps its exchange
  *   - below that exchange are only aggregate, `ProjectExec` and
  *     `FilterExec` nodes over one materialized `ShuffleQueryStageExec`,
  *     so a sort over a join or a scan keeps its range exchange
  *   - that stage wrote at most
  *     `spark.sql.adaptive.coalescePartitions.minPartitionSize` bytes
  *     in all: at that size AQE coalesces the range exchange into one
  *     partition, which is the plan this rule makes without the shuffle
  *
  * No stage is materialized at initial planning, so the rule fires on
  * AQE's re-plan once the aggregate's input stage has finished, and
  * AQE adopts that plan because it has one shuffle fewer.
  */
case class SmallSortCoalesce(session: SparkSession) extends Rule[SparkPlan] {

  override def apply(plan: SparkPlan): SparkPlan = plan match {
    case p @ ProjectExec(_, s: SortExec) => coalesced(s).fold(plan)(c => p.withNewChildren(Seq(c)))
    case s: SortExec => coalesced(s).getOrElse(plan)
    case _ => plan
  }

  private def coalesced(sort: SortExec): Option[SparkPlan] = sort match {
    case SortExec(_, true, ShuffleExchangeExec(_: RangePartitioning, child, ENSURE_REQUIREMENTS, _), _) =>
      val sc = session.sessionState.conf
      val bound = sc.getConf(SQLConf.COALESCE_PARTITIONS_MIN_PARTITION_SIZE)
      val coalescing = sc.coalesceShufflePartitionsEnabled &&
        sc.getConf(SQLConf.ADAPTIVE_EXECUTION_APPLY_FINAL_STAGE_SHUFFLE_OPTIMIZATIONS)
      if (coalescing && stageBytes(child).exists(_ <= bound))
        Some(sort.withNewChildren(Seq(CoalesceExec(1, child))))
      else None
    case _ => None
  }

  /** Bytes written by the materialized shuffle stage under `plan`, or
    * None unless `plan` is aggregate, Project and Filter nodes over
    * such a stage. */
  private def stageBytes(plan: SparkPlan): Option[Long] = plan match {
    case s: ShuffleQueryStageExec =>
      if (s.isMaterialized) Some(s.mapStats.fold(0L)(_.bytesByPartitionId.sum)) else None
    case r: AQEShuffleReadExec => stageBytes(r.child)
    case a: BaseAggregateExec => stageBytes(a.child)
    case p: ProjectExec => stageBytes(p.child)
    case f: FilterExec => stageBytes(f.child)
    case _ => None
  }
}
