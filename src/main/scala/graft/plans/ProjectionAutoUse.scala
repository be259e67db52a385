package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate._
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions.{col, max, min, sum}

/** ClickHouse-style AUTOMATIC projection use, as a Catalyst optimizer
  * rule: an `Aggregate` whose grouping keys and aggregate functions
  * match a materialized aggregate projection of the scanned table
  * (declared via `ALTER TABLE … ADD PROJECTION`, see
  * [[ChAddProjectionCommand]]) is rewritten to scan the projection's
  * pre-aggregated states and MERGE them — rows read ∝ groups, not
  * source rows. This is the transparent-read half of CH projections;
  * the write half (maintenance) is eager rebuild on
  * ADD/MATERIALIZE.
  *
  * Correctness guard: the projection's table-record entry holds a content
  * fingerprint of the base data at materialize time; the rule uses
  * the projection ONLY while the base still matches (any
  * INSERT/mutation/OPTIMIZE changes the fingerprint and silently
  * falls back to the base scan until the next MATERIALIZE
  * PROJECTION). Stale-but-used is a correctness bug; stale-and-
  * skipped is just a missed optimization — ClickHouse keeps
  * projections in sync per part at insert time, which a
  * recompute-on-DDL engine can't promise, so it must check.
  *
  * Supported shape: Aggregate [← Filter on grouping keys] [← Project
  * of bare columns] ← parquet relation; aggregates count(*) /
  * sum/min/max(col), non-DISTINCT; grouping keys = the projection's
  * keys as a set. Anything else falls through untouched.
  *
  * Scale: the win is reading O(groups) pre-merged rows instead of the
  * full fact table — the same reason CH ships the feature. The merge
  * aggregation re-shuffles only projection rows.
  */
/** Transparent SORT-projection use (round 11): a Filter whose
  * predicate constrains the LEADING sort key of a materialized
  * sort-order projection (declared via `ALTER TABLE … ADD PROJECTION
  * p (SELECT * ORDER BY …)`) has its parquet scan swapped for the
  * projection's layout — same rows, alternate physical order, so
  * parquet row-group min/max stats prune decode work exactly like
  * MergeTree's sparse primary index on the projection's ORDER BY.
  * Guarded by the same content fingerprint as aggregate auto-use:
  * any base change falls back to the base scan until MATERIALIZE
  * PROJECTION re-pins. Rows/schema identical by construction, so the
  * rewrite is correctness-free; only scan cost changes. */
case class SortProjectionUse(session: SparkSession) extends Rule[LogicalPlan] {
  import org.apache.spark.sql.catalyst.expressions.{And => CAnd}

  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (!session.conf.get("spark.graft.projections.autoUse", "true").toBoolean) return plan
    // top-down so a Project(…, Filter(…)) sees the COLUMN-SUBSET
    // layouts first (they read fewer bytes); the bare-Filter fallback
    // then handles full-row layouts. The `__graft_proj_` path guard
    // keeps the rewrite idempotent under the fixed-point batch.
    plan.transformDown {
      case p @ Project(ps, Filter(cond, child)) if cond.deterministic &&
          !SubqueryExpression.hasSubquery(cond) &&
          ps.forall(_.deterministic) &&
          !ps.exists(SubqueryExpression.hasSubquery) =>
        tryRewriteSubset(ps, cond, child).getOrElse(p)
      case f @ Filter(cond, child) if cond.deterministic &&
          !SubqueryExpression.hasSubquery(cond) =>
        tryRewrite(f, cond, child).getOrElse(f)
    }
  }

  private def relationOf(p: LogicalPlan): Option[LogicalRelation] = p match {
    case lr @ LogicalRelation(fs: HadoopFsRelation, _, _, _, _)
        if fs.location.rootPaths.size == 1 => Some(lr)
    case SubqueryAlias(_, c) => relationOf(c)
    case _ => None
  }

  /** The leading-key comparison shapes row-group stats can prune on. */
  private def prunable(cond: Expression, key: String): Boolean = {
    def isKey(e: Expression) = e match {
      case a: AttributeReference => a.name == key
      case _ => false
    }
    cond match {
      case CAnd(l, r) => prunable(l, key) || prunable(r, key)
      case EqualTo(l, r) => (isKey(l) && r.foldable) || (isKey(r) && l.foldable)
      case LessThan(l, r) => (isKey(l) && r.foldable) || (isKey(r) && l.foldable)
      case LessThanOrEqual(l, r) => (isKey(l) && r.foldable) || (isKey(r) && l.foldable)
      case GreaterThan(l, r) => (isKey(l) && r.foldable) || (isKey(r) && l.foldable)
      case GreaterThanOrEqual(l, r) => (isKey(l) && r.foldable) || (isKey(r) && l.foldable)
      case In(e, vs) => isKey(e) && vs.forall(_.foldable)
      case _ => false
    }
  }

  /** Sort-projection specs of `child`'s single-root parquet scan whose
    * leading key `cond` can prune on, with the scan's root path. */
  private def candidates(cond: Expression, child: LogicalPlan): Option[(LogicalRelation, Seq[ChCommands.ProjSpec])] = {
    val rel = relationOf(child).getOrElse(return None)
    val path = rel.relation.asInstanceOf[HadoopFsRelation].location.rootPaths.head.toString
    if (path.contains("__graft_proj_")) return None // never rewrite a projection read
    val specs = ChCommands.tableProjections(session, path).filter { sp =>
      sp.states.isEmpty && sp.fingerprintOk &&
        sp.keys.headOption.exists(k => prunable(cond, k))
    }
    if (specs.isEmpty) None else Some((rel, specs))
  }

  private def projectionScan(sp: ChCommands.ProjSpec): LogicalPlan =
    session.read.parquet(sp.dataPath).queryExecution.analyzed match {
      case SubqueryAlias(_, c) => c
      case p => p
    }

  /** Column-subset engagement: a Project over the Filter bounds what
    * the query reads, so a layout storing only those columns serves
    * it — the smallest covering subset wins (fewest bytes). The
    * rewritten Project keeps the original attribute ids. */
  private def tryRewriteSubset(ps: Seq[NamedExpression], cond: Expression,
                               child: LogicalPlan): Option[LogicalPlan] = {
    val (rel, specs) = candidates(cond, child).getOrElse(return None)
    val needed = (ps.flatMap(_.references) ++ cond.references).map(_.name).toSet
    // every needed column must exist on the base relation by name
    // (no hidden metadata attrs) for the name-keyed swap to be sound
    val baseByName = rel.output.map(a => a.name -> a).toMap
    if (!needed.forall(baseByName.contains)) return None
    val covering = specs
      .filter(sp => sp.cols.nonEmpty && needed.subsetOf(sp.cols.toSet))
      .sortBy(_.cols.size)
    covering.view.flatMap { sp =>
      val newRel = projectionScan(sp)
      val byName = newRel.output.map(a => a.name -> a).toMap
      val typesOk = needed.forall(n =>
        byName.get(n).exists(_.dataType == baseByName(n).dataType))
      if (!typesOk) None
      else {
        val newCond = cond.transform {
          case a: AttributeReference => byName.getOrElse(a.name, a)
        }
        val newPs = ps.map { ne =>
          val swapped = ne.transformUp {
            case a: AttributeReference => byName.getOrElse(a.name, a)
          }
          swapped match {
            case al: Alias => al // transform preserved the exprId
            case e => Alias(e, ne.name)(exprId = ne.exprId)
          }
        }
        Some(Project(newPs, Filter(newCond, newRel)))
      }
    }.headOption
  }

  private def tryRewrite(f: Filter, cond: Expression, child: LogicalPlan): Option[LogicalPlan] = {
    val (rel, specs) = candidates(cond, child).getOrElse(return None)
    // a bare Filter exposes the FULL relation schema, so only layouts
    // carrying every base column qualify; first spec that lines up
    // (names and types) wins
    specs.view.flatMap { sp =>
      val newRel = projectionScan(sp)
      val byName = newRel.output.map(a => a.name -> a).toMap
      if (rel.output.exists(o => !byName.get(o.name).exists(_.dataType == o.dataType))) None
      else {
        val newCond = cond.transform {
          case a: AttributeReference => byName.getOrElse(a.name, a)
        }
        // restore the original attribute ids above the swapped scan
        Some(Project(
          rel.output.map(o => Alias(byName(o.name), o.name)(exprId = o.exprId)),
          Filter(newCond, newRel)))
      }
    }.headOption
  }
}

case class ProjectionAutoUse(session: SparkSession) extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (!session.conf.get("spark.graft.projections.autoUse", "true").toBoolean) return plan
    plan.transformUp {
      case agg @ Aggregate(groupExprs, aggExprs, child, _) =>
        tryRewrite(agg, groupExprs, aggExprs, child).getOrElse(agg)
    }
  }

  private case class Scan(path: String, filter: Option[Expression])

  /** Unwrap [Filter]/[bare-column Project] down to a single-root
    * parquet relation; the filter may only reference `allowedAttrs`
    * (the grouping keys — present verbatim in the projection). */
  private def unwrap(p: LogicalPlan, allowed: Set[String]): Option[Scan] = p match {
    case LogicalRelation(fs: HadoopFsRelation, _, _, _, _) if fs.location.rootPaths.size == 1 =>
      Some(Scan(fs.location.rootPaths.head.toString, None))
    case Project(projList, c) if projList.forall(_.isInstanceOf[AttributeReference]) =>
      unwrap(c, allowed)
    case Filter(cond, c) if cond.references.forall(a => allowed.contains(a.name)) &&
        cond.deterministic && !SubqueryExpression.hasSubquery(cond) =>
      unwrap(c, allowed).map(s =>
        s.copy(filter = Some(s.filter.map(And(_, cond)).getOrElse(cond))))
    case SubqueryAlias(_, c) => unwrap(c, allowed)
    case _ => None
  }

  private def tryRewrite(agg: Aggregate, groupExprs: Seq[Expression],
                         aggExprs: Seq[NamedExpression], child: LogicalPlan): Option[LogicalPlan] = {
    // grouping keys must be bare columns
    val keyAttrs = groupExprs.map {
      case a: AttributeReference => a
      case _ => return None
    }
    val keyNames = keyAttrs.map(_.name)
    val scan = unwrap(child, keyNames.toSet).getOrElse(return None)
    val specs = ChCommands.tableProjections(session, scan.path)
    if (specs.isEmpty) return None
    // every aggregate FUNCTION anywhere in the output (possibly under
    // scalar wrappers like round()) must map onto projection states
    def mapAgg(ae: AggregateExpression): Option[(String, String)] =
      if (ae.isDistinct || ae.filter.nonEmpty) None
      else ae.aggregateFunction match {
        case Count(Seq(Literal(_, _))) => Some(("count", ""))
        case Sum(a: AttributeReference, _) => Some(("sum", a.name))
        case Min(a: AttributeReference) => Some(("min", a.name))
        case Max(a: AttributeReference) => Some(("max", a.name))
        case _ => None
      }
    val allAggs = aggExprs.flatMap(_.collect { case ae: AggregateExpression => ae })
    val aggKey: Map[AggregateExpression, (String, String)] =
      allAggs.map(ae => ae -> mapAgg(ae).getOrElse(return None)).toMap
    // non-agg parts may only reference grouping keys (constant per group)
    aggExprs.foreach { ne =>
      val outside = ne.transform { case _: AggregateExpression => Literal(0) }
      if (!outside.references.forall(a => keyNames.contains(a.name)) || !ne.deterministic)
        return None
    }
    val wanted = aggKey.values.toSet
    // keys-only aggregate (a DISTINCT): nothing to merge — the base
    // scan's own partial aggregation is already minimal; skip
    if (wanted.isEmpty) return None
    val hit = specs.find { sp =>
      sp.keys.toSet == keyNames.toSet && sp.fingerprintOk &&
        wanted.subsetOf(sp.states.map(st => (st._2, st._3)).toSet)
    }.getOrElse(return None)
    val stateCol = hit.states.map(st => (st._2, st._3) -> st._1).toMap
    // build the merge read over the projection data; the group-key
    // filter commutes with per-key aggregation (keys are constant
    // within a group) and re-applies via its SQL rendering
    var df = session.read.parquet(hit.dataPath)
    scan.filter.foreach { f =>
      val unqualified = f.transform { case a: AttributeReference => a.withQualifier(Seq.empty) }
      df = df.where(org.apache.spark.sql.functions.expr(unqualified.sql))
    }
    // one merge aggregate per distinct (func, src); the projection
    // groups by exactly the query's keys, so each group holds one
    // state row and count/sum merge via sum, min/max via min/max
    val mergeIdx = wanted.toSeq.zipWithIndex.toMap
    val mergeCols = mergeIdx.toSeq.sortBy(_._2).map { case ((f, s), i) =>
      val c = f match {
        case "count" | "sum" => sum(col(stateCol((f, s))))
        case "min" => min(col(stateCol((f, s))))
        case "max" => max(col(stateCol((f, s))))
      }
      c.as(s"__graft_m_$i")
    }
    // re-render each output with its aggregates swapped for merge cols
    val selectCols = aggExprs.map { ne =>
      val body = ne match { case Alias(e, _) => e; case e => e }
      val swapped = body.transformDown {
        case ae: AggregateExpression =>
          UnresolvedAttribute(s"__graft_m_${mergeIdx(aggKey(ae))}")
      }.transform { case a: AttributeReference => a.withQualifier(Seq.empty) }
      org.apache.spark.sql.functions.expr(swapped.sql)
    }
    val merged = df.groupBy(keyNames.map(col): _*)
      .agg(mergeCols.head, mergeCols.tail.toSeq: _*)
      .select(selectCols: _*)
    val newPlan = merged.queryExecution.analyzed
    if (newPlan.output.size != agg.output.size) return None
    // types must line up exactly or the swap changes semantics
    if (newPlan.output.zip(agg.output).exists { case (n, o) => n.dataType != o.dataType })
      return None
    Some(Project(
      agg.output.zip(newPlan.output).map { case (o, n) =>
        Alias(n, o.name)(exprId = o.exprId)
      }, newPlan))
  }
}
