package graft

import org.apache.spark.sql.catalyst.expressions._

/** The expression-forest URLHierarchy/URLPathHierarchy that the
  * one-pass [[graft.plans.UrlHierarchy]] kernel replaced, kept as the
  * reference semantics the kernel must match on every input
  * (Round20UrlFuzzSpec).
  *
  * The URL is truncated after each run of `/` `?` separators past the
  * authority (consecutive separators collapse — the cut lands after
  * the run), the full URL appended when it doesn't end in a separator.
  * pathOnly drops the scheme+authority prefix and the bare `/` root
  * element (CH shape). All array ops — no UDF, O(|tail|) per row. */
object UrlHierarchyReference {
  private def lamVar(name: String): UnresolvedNamedLambdaVariable =
    UnresolvedNamedLambdaVariable(Seq(name))

  def urlHierarchyExpr(url: Expression, pathOnly: Boolean): Expression = {
    val schemeIdx = StringInstr(url, Literal("://"))
    val prefixLen = If(GreaterThan(schemeIdx, Literal(0)),
      Add(schemeIdx, Literal(2)), Literal(0))
    val after = Substring(url, Add(prefixLen, Literal(1)), Literal(Int.MaxValue))
    def posOf(c: String): Expression = {
      val p = StringInstr(after, Literal(c))
      If(EqualTo(p, Literal(0)), Add(Length(after), Literal(1)), p)
    }
    val firstSep = Least(Seq(posOf("/"), posOf("?"), posOf("#")))
    val base = Substring(url, Literal(1), Subtract(Add(prefixLen, firstSep), Literal(1)))
    val tail = Substring(url, Add(prefixLen, firstSep), Literal(Int.MaxValue))
    val len  = Length(tail)
    def isSep(e: Expression): Expression =
      In(e, Seq(Literal("/"), Literal("?")))
    val i = lamVar("gr_uh_i")
    // positions ending a separator run ("consecutive separators count
    // as one; the cut is made after all of them")
    val runEnds = ArrayFilter(
      // Slice guards the empty tail: Sequence(1, 0) would run DOWN
      Slice(new Sequence(Literal(0), len, None), Literal(2), len),
      LambdaFunction(And(isSep(Substring(tail, i, Literal(1))),
        Or(EqualTo(i, len), Not(isSep(Substring(tail, Add(i, Literal(1)), Literal(1)))))), Seq(i)))
    val cutAt = lamVar("gr_uh_c")
    val levels = ArrayTransform(runEnds,
      LambdaFunction(
        if (pathOnly) Substring(tail, Literal(1), cutAt)
        else Concat(Seq(base, Substring(tail, Literal(1), cutAt))), Seq(cutAt)))
    val lastIsSep = And(GreaterThan(len, Literal(0)),
      isSep(Substring(tail, len, Literal(1))))
    val full: Expression = if (pathOnly) tail else url
    val withFull = If(lastIsSep, levels,
      Concat(Seq(levels, CreateArray(Seq(full)))))
    val empty = Literal.create(Seq.empty[String],
      org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.StringType))
    if (pathOnly) {
      // the bare "/" root level is not part of the CH path hierarchy
      val e = lamVar("gr_uh_e")
      If(LessThanOrEqual(len, Literal(0)), empty,
        ArrayFilter(withFull, LambdaFunction(Not(EqualTo(e, Literal("/"))), Seq(e))))
    } else If(LessThanOrEqual(len, Literal(0)), CreateArray(Seq(url)), withFull)
  }
}
