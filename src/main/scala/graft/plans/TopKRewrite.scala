package graft.plans

import scala.util.Try

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.AggregateExpression
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, IntegerType, LongType, MapType, StructType}

/** Automatic top-k-per-group (rounds 18–19): rewrites the spellings
  * users actually write —
  *
  * {{{ Filter(rn <= k, Window(row_number() OVER (PARTITION BY p ORDER BY o) AS rn, child)) }}}
  *
  * and (round 19) the tie-admitting siblings `rank() <= k` /
  * `dense_rank() <= k` — into aggregates that never sort a task's input
  * on the window's (partition, order) keys. Three shapes:
  *
  *  - `row_number()` with implied k = 1 (dedup, ReplacingMergeTree
  *    FINAL, `LIMIT 1 BY`) whose [[GraftRowFirst]] buffer is fixed-width
  *    (`Aggregate.supportsHashAggregate` over its buffer and the
  *    grouping keys): a flat hash aggregate, no Generate —
  *    {{{ Filter(cond, Project(p…, payload from struct, 1 AS rn,
  *          Aggregate(p, p…, graft_row_first(o…, payload…) AS first, child))) }}}
  *    Partition-key columns come from the grouping output, except
  *    floating-point ones: the planner normalizes float grouping keys
  *    (NormalizeFloatingNumbers, -0.0 → 0.0), so those ride in the
  *    buffer like any payload column. It plans as a codegen'd
  *    HashAggregate with map-side partial aggregation.
  *  - other `row_number()` bounds, and k = 1 when a sort key or
  *    payload column is a string, binary or nested value: the
  *    [[GraftRowTopK]] bounded heap —
  *    {{{ Filter(cond, Project(payload from struct, pos+1 AS rn,
  *          Generate(posexplode(top),
  *            Aggregate(p, graft_row_topk(struct(o…, payload…), k) AS top, child)))) }}}
  *  - `rank()`/`dense_rank()`: the same shape over [[GraftRankTopK]],
  *    which keeps exactly the rank rule's output (k-1 rows + the
  *    boundary tie group, or k distinct key values).
  *
  * Why: both WindowGroupLimit modes require their child SORTED, so the
  * window plan full-sorts every map task's input before the pushdown
  * trims it — at 100 TB that map-side sort is the spiller (q16b, 5.5×
  * at sf100, docs/AUDIT_q16_wgl_r17.md). The aggregates ship only
  * result-sized data across the shuffle. The heap ones plan as
  * ObjectHashAggregate, which past 128 groups per task falls back to
  * sorting that task's remaining input by group key (see
  * [[GraftRowTopK]]); only the flat k = 1 shape sorts nothing at any
  * group count.
  *
  * Conservative guards (anything else falls through untouched):
  *  - the Window computes EXACTLY ONE expression and it is
  *    `row_number()`, `rank()` or `dense_rank()`;
  *  - some conjunct of the Filter is `rn <= k` / `rn < k+1` / `rn = k`
  *    (literal, 1 ≤ k ≤ `spark.graft.topk.rewrite.maxK`, default 1000 —
  *    the heap is per-group per-task memory, so k must stay small);
  *  - the window has a non-empty ORDER BY of deterministic, orderable,
  *    subquery-free keys, and deterministic partition keys; rank and
  *    dense_rank additionally refuse float/double sort keys (tie
  *    equality under total ordering distinguishes -0.0 from 0.0 where
  *    SQL rank does not);
  *  - the Filter condition is deterministic and subquery-free;
  *  - a WindowGroupLimit below the Window is stripped ONLY when its
  *    partition/order specs semantically equal the window's, its rank
  *    function matches the rewritten one and its limit ≥ k (i.e. it is
  *    InferWindowGroupLimit's own pre-filter for this exact window,
  *    which the aggregate subsumes); any other WGL blocks the rewrite.
  *
  * The ENTIRE original condition re-applies above the rewritten shape
  * (rn reconstructed with its original exprId), so residual
  * conjuncts — other rn bounds, payload predicates that must apply
  * post-numbering — keep their semantics; the rn ≤ k conjunct itself
  * re-checks the output-sized rows, a no-op in cost. Output
  * attributes, ids, names and nullability are preserved exactly, so
  * the rewrite is invisible to the rest of the plan. Opt out with
  * `spark.graft.topk.rewrite=false`.
  *
  * Cost note (deliberate non-guard): for very high-cardinality
  * partition keys with large k, the aggregate materializes groups × k
  * rows where the window plan streams them — the rewrite can approach
  * input size and lose its edge (it never loses correctness). There is
  * no stats-based cardinality guard because the optimizer-stage stats
  * here are file-size estimates, not NDVs; the maxK cap and the
  * per-session opt-out conf are the mitigations, and rank mode
  * additionally fails loudly past `spark.graft.topk.rewrite.maxTieRows`
  * buffered rows in one group rather than courting an executor OOM.
  */
case class TopKRewrite(session: SparkSession) extends Rule[LogicalPlan] with PredicateHelper {

  // malformed conf values fall back to defaults with a warning — a
  // typo'd session conf must not fail every query in the session from
  // inside the optimizer
  private def confBool(key: String, default: Boolean): Boolean =
    Try(session.conf.get(key, default.toString).trim.toBoolean).getOrElse {
      logWarning(s"ignoring malformed $key, using $default")
      default
    }
  private def confInt(key: String, default: Int): Int =
    Try(session.conf.get(key, default.toString).trim.toInt).toOption.filter(_ >= 1).getOrElse {
      if (session.conf.get(key, default.toString).trim != default.toString)
        logWarning(s"ignoring malformed $key, using $default")
      default
    }

  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (!confBool("spark.graft.topk.rewrite", default = true)) return plan
    val maxK = confInt("spark.graft.topk.rewrite.maxK", 1000)
    val maxTieRows = confInt("spark.graft.topk.rewrite.maxTieRows", 1000000)
    plan.transformUp {
      case f @ Filter(cond,
          Window(Seq(al @ Alias(WindowExpression(fn, _), _)), parts, orders, wchild0, _))
          if isSupported(fn) && cond.deterministic && !SubqueryExpression.hasSubquery(cond) =>
        rewrite(cond, al, fn, parts, orders, wchild0, maxK, maxTieRows).getOrElse(f)
    }
  }

  private def isSupported(fn: Expression): Boolean = fn match {
    case RowNumber() | _: Rank | _: DenseRank => true
    case _ => false
  }

  /** The tightest literal upper bound on `rn` implied by a conjunct of
    * `cond` — the heap size. `rn = k` implies `rn ≤ k`; `rn < k`
    * implies `rn ≤ k-1`. */
  private def impliedK(cond: Expression, rn: Attribute): Option[Long] = {
    def lit(e: Expression): Option[Long] = e match {
      case Literal(v: Int, IntegerType) => Some(v.toLong)
      case Literal(v: Long, LongType)   => Some(v)
      case _ => None
    }
    def isRn(e: Expression) = e match {
      case a: Attribute => a.exprId == rn.exprId
      case _ => false
    }
    val bounds = splitConjunctivePredicates(cond).flatMap {
      case LessThanOrEqual(a, l) if isRn(a) => lit(l)
      case LessThan(a, l) if isRn(a)        => lit(l).map(_ - 1)
      case EqualTo(a, l) if isRn(a)         => lit(l)
      case EqualTo(l, a) if isRn(a)         => lit(l)
      case GreaterThanOrEqual(l, a) if isRn(a) => lit(l)
      case GreaterThan(l, a) if isRn(a)     => lit(l).map(_ - 1)
      case _ => None
    }
    if (bounds.isEmpty) None else Some(bounds.min)
  }

  private def rewrite(cond: Expression, rnAlias: Alias, fn: Expression, parts: Seq[Expression],
                      orders: Seq[SortOrder], wchild0: LogicalPlan,
                      maxK: Int, maxTieRows: Int): Option[LogicalPlan] = {
    val rnAttr = rnAlias.toAttribute
    val k = impliedK(cond, rnAttr).getOrElse(return None)
    if (k < 1 || k > maxK) return None
    if (orders.isEmpty) return None
    val sortKeys = orders.map(_.child)
    if (sortKeys.exists(e => !e.deterministic || SubqueryExpression.hasSubquery(e) ||
        !RowOrdering.isOrderable(e.dataType))) return None
    if (parts.exists(e => !e.deterministic || SubqueryExpression.hasSubquery(e))) return None
    // Spark's InferWindowGroupLimit may already have inserted its
    // pre-filter below the Window; the aggregate subsumes it — but
    // ONLY when it is verifiably that pre-filter for this exact
    // window. A WGL with different specs, a different rank function
    // or a tighter limit would change results if discarded: block.
    val wchild = wchild0 match {
      case wgl @ WindowGroupLimit(ps, os, rankFn, limit, c) =>
        val matches = ps.length == parts.length &&
          ps.zip(parts).forall { case (a, b) => a.semanticEquals(b) } &&
          os.length == orders.length &&
          os.zip(orders).forall { case (a, b) => a.semanticEquals(b) } &&
          rankFn.getClass == fn.getClass && limit >= k
        if (!matches) return None
        c
      case c => c
    }
    val payload = wchild.output
    if (payload.isEmpty) return None

    val ascFlags  = orders.map(_.direction == Ascending)
    val nullFlags = orders.map(_.nullOrdering == NullsFirst)
    if (fn == RowNumber() && k == 1) {
      val first = firstRow(sortKeys, ascFlags, nullFlags, cond, rnAttr, parts, payload, wchild)
      if (first.isDefined) return first
    }

    // struct [sort keys ++ payload]; names are positional (extraction
    // below is by ordinal) but must be unique within the struct
    val n = sortKeys.length
    val fields = sortKeys.zipWithIndex.flatMap { case (e, i) =>
      Seq(Literal(s"k$i"), e)
    } ++ payload.zipWithIndex.flatMap { case (a, i) =>
      Seq(Literal(s"c$i"), a)
    }
    val struct = CreateNamedStruct(fields)

    fn match {
      case RowNumber() =>
        val agg = GraftRowTopK(struct, Literal(k.toInt), ascFlags, nullFlags)
        if (agg.checkInputDataTypes().isFailure) return None
        val topAlias = Alias(
          AggregateExpression(agg, org.apache.spark.sql.catalyst.expressions.aggregate.Complete,
            isDistinct = false), "__graft_topk")()
        val aggregate = Aggregate(parts, Seq(topAlias), wchild)

        val elemType = struct.dataType.asInstanceOf[StructType]
        val posAttr = AttributeReference("__graft_pos", IntegerType, nullable = false)()
        val rowAttr = AttributeReference("__graft_row", elemType, nullable = false)()
        val generate = Generate(PosExplode(topAlias.toAttribute),
          unrequiredChildIndex = Seq(0), outer = false, qualifier = None,
          generatorOutput = Seq(posAttr, rowAttr), aggregate)

        // reconstruct the Window's exact output: payload columns from
        // the struct, rn = pos+1 — original exprIds so parents are
        // untouched
        val projections = payload.zipWithIndex.map { case (a, i) =>
          Alias(GetStructField(rowAttr, n + i, Some(a.name)), a.name)(
            exprId = a.exprId, qualifier = a.qualifier, explicitMetadata = Some(a.metadata))
        } :+ Alias(Add(posAttr, Literal(1)), rnAlias.name)(
          exprId = rnAttr.exprId, qualifier = rnAttr.qualifier)
        Some(Filter(cond, Project(projections, generate)))

      case rankFn =>
        val dense = rankFn.isInstanceOf[DenseRank]
        val agg = GraftRankTopK(struct, Literal(k.toInt), ascFlags, nullFlags, dense, maxTieRows)
        // the float/double sort-key refusal lives in the aggregate's
        // type check — failing it falls through to the window plan
        if (agg.checkInputDataTypes().isFailure) return None
        val topAlias = Alias(
          AggregateExpression(agg, org.apache.spark.sql.catalyst.expressions.aggregate.Complete,
            isDistinct = false), "__graft_topk")()
        val aggregate = Aggregate(parts, Seq(topAlias), wchild)

        val elemType = agg.dataType.asInstanceOf[ArrayType]
          .elementType.asInstanceOf[StructType]
        val rowAttr = AttributeReference("__graft_rrow", elemType, nullable = false)()
        val generate = Generate(Explode(topAlias.toAttribute),
          unrequiredChildIndex = Seq(0), outer = false, qualifier = None,
          generatorOutput = Seq(rowAttr), aggregate)

        // payload columns from the nested struct, rn = the computed
        // rank field — original exprIds so parents are untouched
        val inner = GetStructField(rowAttr, 1, Some("v"))
        val projections = payload.zipWithIndex.map { case (a, i) =>
          Alias(GetStructField(inner, n + i, Some(a.name)), a.name)(
            exprId = a.exprId, qualifier = a.qualifier, explicitMetadata = Some(a.metadata))
        } :+ Alias(GetStructField(rowAttr, 0, Some("r")), rnAlias.name)(
          exprId = rnAttr.exprId, qualifier = rnAttr.qualifier)
        Some(Filter(cond, Project(projections, generate)))
    }
  }

  /** The flat k = 1 shape (see the class doc), or None when the
    * [[GraftRowFirst]] buffer is not fixed-width. */
  private def firstRow(sortKeys: Seq[Expression], ascFlags: Seq[Boolean], nullFlags: Seq[Boolean],
                       cond: Expression, rnAttr: Attribute, parts: Seq[Expression],
                       payload: Seq[Attribute], child: LogicalPlan): Option[LogicalPlan] = {
    val fromGroup = payload.filter(a => parts.exists(_.semanticEquals(a)) &&
      !hasFloat(a.dataType))
    val carried = payload.filterNot(fromGroup.contains)
    val first = GraftRowFirst(sortKeys, carried, ascFlags, nullFlags)
    // a global aggregate would emit one row for empty input; grouping
    // by a constant emits none, as the window does
    val grouping = if (parts.isEmpty) Seq(Literal(0)) else parts
    if (!Aggregate.supportsHashAggregate(first.aggBufferAttributes, grouping)) return None

    val firstAlias = Alias(first.toAggregateExpression(), "__graft_first")()
    val aggregate = Aggregate(grouping, fromGroup :+ firstAlias, child)
    val projections = payload.map { a =>
      val i = carried.indexOf(a)
      if (i < 0) a
      else Alias(GetStructField(firstAlias.toAttribute, i, Some(a.name)), a.name)(
        exprId = a.exprId, qualifier = a.qualifier, explicitMetadata = Some(a.metadata))
    } :+ Alias(Literal(1), rnAttr.name)(exprId = rnAttr.exprId, qualifier = rnAttr.qualifier)
    Some(Filter(cond, Project(projections, aggregate)))
  }

  private def hasFloat(t: DataType): Boolean = t match {
    case FloatType | DoubleType => true
    case ArrayType(e, _)        => hasFloat(e)
    case st: StructType         => st.fields.exists(f => hasFloat(f.dataType))
    case MapType(k, v, _)       => hasFloat(k) || hasFloat(v)
    case _                      => false
  }
}
