package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryComparison, Expression, LeafExpression, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Final, PartialMerge}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodeGenerator, ExprCode, JavaCode}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{FilterExec, ProjectExec, SparkPlan}
import org.apache.spark.sql.execution.aggregate.HashAggregateExec
import org.apache.spark.sql.types._

/** A fixed-width constant whose generated code reads it from the
  * compiled class's `references` array, once, into a field.
  *
  * `Literal` writes its value into the Java source (`x >= 8766`), so
  * statements that differ only in a constant compile one class each.
  * With the value in `references`, the source is the same and Spark's
  * codegen cache serves the class compiled for the first of them.
  *
  * Otherwise it acts as the literal it replaces: foldable, evaluates
  * to its value, prints as that `Literal` in plans and EXPLAIN. Two
  * are equal only when their literals are, so plans (and exchanges
  * that ReuseExchange would merge) that differ in a constant stay
  * apart.
  */
case class ParamLiteral(value: Any, dataType: DataType) extends LeafExpression {
  private def literal: Literal = Literal(value, dataType)

  override def nullable: Boolean = false
  override def foldable: Boolean = true
  override def eval(input: InternalRow): Any = value
  override def toString: String = literal.toString
  override def sql: String = literal.sql

  override def equals(other: Any): Boolean = other match {
    case p: ParamLiteral => literal == p.literal
    case _ => false
  }
  override def hashCode(): Int = literal.hashCode()

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val javaType = CodeGenerator.javaType(dataType)
    val ref = ctx.addReferenceObj("param", value, CodeGenerator.boxedType(dataType))
    val field = ctx.addMutableState(javaType, "param", v => s"$v = $ref.${javaType}Value();")
    ExprCode.forNonNullValue(JavaCode.global(field, dataType))
  }
}

/** Replaces the constant operands of comparisons with [[ParamLiteral]]s,
  * so a plan shape compiles once whatever its bounds: an AQE query-stage
  * prep rule.
  *
  * It rewrites non-null int, long, short, byte, float, double, date,
  * timestamp and timestamp_ntz literals that are a direct operand of a
  * comparison in the expressions of `FilterExec`, `ProjectExec` and
  * `HashAggregateExec` (which holds the `countIf`/`sumIf` conditions).
  * Scans are not touched, so their `dataFilters` and the parquet
  * pushdown built from them keep the real `Literal`. Aggregate
  * functions of a final or merge aggregate are left as they are: that
  * node does not evaluate their inputs, and a rewritten function gets
  * new buffer attributes that the partial aggregate's output would not
  * match.
  *
  * Not covered: plans without an exchange, which AQE does not plan,
  * and operator parameters such as a LIMIT count, which Spark's codegen
  * inlines itself.
  */
object ParamLiterals extends Rule[SparkPlan] {

  override def apply(plan: SparkPlan): SparkPlan = plan.transformUp {
    case p @ (_: FilterExec | _: ProjectExec | _: HashAggregateExec) => p.mapExpressions(params)
  }

  private def params(e: Expression): Expression = e match {
    case a: AggregateExpression if a.mode == Final || a.mode == PartialMerge => a
    case c: BinaryComparison => c.mapChildren(ch => params(param(ch)))
    case _ => e.mapChildren(params)
  }

  private def param(e: Expression): Expression = e match {
    case Literal(v, t) if v != null && fixedWidth(t) => ParamLiteral(v, t)
    case _ => e
  }

  private def fixedWidth(t: DataType): Boolean = t match {
    case IntegerType | LongType | ShortType | ByteType | FloatType | DoubleType |
         DateType | TimestampType | TimestampNTZType => true
    case _ => false
  }
}
