package graft.plans

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** `graft_lsh_buckets(vec, numPlanes, numTables)` → array<bigint>:
  * the random-hyperplane LSH bucket id of `vec` in each of
  * `numTables` independent hash tables (table t uses planes
  * `t*numPlanes until (t+1)*numPlanes`; bit p of the id is the sign
  * of the dot with plane p).
  *
  * One expression instead of numTables × numPlanes inlined
  * [[DotProduct]]s: the compositional form put 64 dot loops into the
  * candidate-join stage's generated method, which grew past JIT/
  * codegen limits and silently fell back to interpreted eval per
  * element — the bucket computation dominated the join. Here the
  * whole plane sweep is one tight primitive loop per row (planes
  * pre-materialized once per executor), so the join stage's generated
  * code stays small and the sweep itself is a memory-bandwidth loop.
  *
  * Plane p is the deterministic ±1 vector from a seeded LCG
  * ([[Hyperplanes.plane]]) — identical on every JVM, so every
  * executor buckets identically.
  */
object Hyperplanes {
  /** Max vector dimensionality the plane family covers. */
  val MaxDim = 1024

  /** Deterministic ±1 hyperplane for plane index `p` (prefix-stable:
    * `plane(p, d1)` is a prefix of `plane(p, d2)` for d1 < d2). */
  def plane(p: Int, dim: Int = MaxDim): Array[Double] = {
    val rnd = new java.util.Random(0x5EED0000L + p)
    Array.fill(math.min(dim, MaxDim))(if (rnd.nextBoolean()) 1.0 else -1.0)
  }
}

case class LshBucketIds(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression with CodegenFallback {

  override def checkInputDataTypes(): TypeCheckResult = {
    val vecOk = first.dataType match {
      case ArrayType(FloatType | DoubleType, _) => true
      case _ => false
    }
    if (!vecOk)
      TypeCheckResult.TypeCheckFailure("graft_lsh_buckets requires array<float>/array<double>")
    else if (!second.foldable || second.dataType != IntegerType)
      TypeCheckResult.TypeCheckFailure("numPlanes must be an integer literal")
    else if (!third.foldable || third.dataType != IntegerType)
      TypeCheckResult.TypeCheckFailure("numTables must be an integer literal")
    else TypeCheckResult.TypeCheckSuccess
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_lsh_buckets"

  private lazy val numPlanes = second.eval().asInstanceOf[Int]
  private lazy val numTables = third.eval().asInstanceOf[Int]
  private lazy val isFloat =
    first.dataType.asInstanceOf[ArrayType].elementType == FloatType
  // planes laid out [plane][dim], materialized once per executor
  private lazy val planes: Array[Array[Double]] =
    Array.tabulate(numTables * numPlanes)(Hyperplanes.plane(_))

  override protected def nullSafeEval(vecAny: Any, np: Any, nt: Any): Any = {
    val vec = vecAny.asInstanceOf[ArrayData]
    val d = math.min(vec.numElements(), Hyperplanes.MaxDim)
    val v = new Array[Double](d)
    var i = 0
    while (i < d) {
      v(i) = if (vec.isNullAt(i)) 0.0
             else if (isFloat) vec.getFloat(i).toDouble
             else vec.getDouble(i)
      i += 1
    }
    val out = new Array[Long](numTables)
    var t = 0
    while (t < numTables) {
      var bk = 0L
      var p = 0
      while (p < numPlanes) {
        val plane = planes(t * numPlanes + p)
        var s = 0.0
        var j = 0
        while (j < d) { s += v(j) * plane(j); j += 1 }
        if (s >= 0) bk |= (1L << p)
        p += 1
      }
      out(t) = bk
      t += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression): LshBucketIds = copy(f, s, t)
}
