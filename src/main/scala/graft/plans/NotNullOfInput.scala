package graft.plans

import java.util.regex.{Matcher, Pattern}

import scala.annotation.tailrec
import scala.util.Try

import org.apache.spark.sql.catalyst.expressions.{Expression, IsNotNull, Lower, RegExpReplace, StringTrim, StringTrimLeft, StringTrimRight, Upper}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.trees.TreePattern.FILTER

/** `isnotnull(f(x))` becomes `isnotnull(x)` in filter conditions, where
  * `f` is a chain of lower, upper, trim/ltrim/rtrim and regexp_replace
  * whose other arguments are non-null constants (a pattern that
  * compiles, a replacement without group references, so it cannot
  * fail): each of those returns null exactly when `x` is null.
  *
  * A null filter on a computed column is pushed below the projection
  * that computes it with the column's expression inlined, so without
  * this a filter on `TextAnalysis.normalize(text)` runs the regex and
  * the case folding once in the filter and again in the projection.
  */
object NotNullOfInput extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformWithPruning(_.containsPattern(FILTER)) {
      case f: Filter => f.copy(condition = f.condition.transform { case IsNotNull(e) => IsNotNull(input(e)) })
    }

  @tailrec private def input(e: Expression): Expression = e match {
    case Lower(c) => input(c)
    case Upper(c) => input(c)
    case StringTrim(c, t) if t.forall(constant) => input(c)
    case StringTrimLeft(c, t) if t.forall(constant) => input(c)
    case StringTrimRight(c, t) if t.forall(constant) => input(c)
    case RegExpReplace(c, re, rep, pos) if Seq(re, rep, pos).forall(constant) &&
        Try(Pattern.compile(re.eval().toString)).isSuccess &&
        Matcher.quoteReplacement(rep.eval().toString) == rep.eval().toString => input(c)
    case _ => e
  }

  private def constant(e: Expression): Boolean = e.foldable && Try(e.eval()).toOption.exists(_ != null)
}
