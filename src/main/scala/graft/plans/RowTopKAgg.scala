package graft.plans

import java.io.{ByteArrayOutputStream, DataInputStream, DataOutputStream}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{And, Ascending, AttributeReference, BoundReference, Coalesce, CreateNamedStruct, Descending, Expression, GreaterThan, If, IsNotNull, IsNull, KnownNotNull, LessThan, Literal, Not, NullsFirst, NullsLast, Or, RowOrdering, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.{DeclarativeAggregate, TypedImperativeAggregate}
import org.apache.spark.sql.catalyst.trees.BinaryLike
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, BooleanType, DataType, IntegerType, LongType, StructField, StructType}
import scala.collection.mutable

/** Bounded-heap top-k ROWS per group, under an explicit multi-key sort
  * order — the aggregate kernel behind [[TopKRewrite]]'s automatic
  * `Filter(rn <= k, Window(row_number))` → aggregate rewrite, for k > 1
  * and for k = 1 when [[GraftRowFirst]]'s flat buffer would not be
  * fixed-width (a string, binary or nested sort key or payload column).
  *
  * [[GraftGroupArraySorted]] (the user-facing `groupArraySorted`)
  * orders by the VALUE's natural ascending order, which forced q16b to
  * spell "price desc" as `struct(-price, …)` — a trick that only works
  * for numerics. This kernel instead takes the whole row packed as a
  * struct `[sortKey_1..sortKey_n, payload_1..payload_m]` plus the
  * per-key direction/null-ordering flags, and orders the heap with the
  * exact `SortOrder` semantics of the window spelling it replaces —
  * strings desc, NULLS LAST, anything `RowOrdering.isOrderable`.
  *
  * Scale shape: each map task keeps ≤ k rows per group, partial
  * aggregation ships `groups × k` rows across the shuffle, and the
  * merge is heap-merge. It plans as ObjectHashAggregate, which keeps a
  * hash map of heaps only up to
  * `spark.sql.objectHashAggregate.sortBased.fallbackThreshold` (128)
  * groups per task; past that it sorts the task's remaining input by
  * group key and aggregates sort-based, paying a serialize/deserialize
  * round trip per heap. So per task it sorts nothing for a few groups
  * and the whole input for many. The window plan instead sorts every
  * task's full input on (partition, order) keys, even under
  * WindowGroupLimit's pushdown (docs/AUDIT_q16_wgl_r17.md — the sf100
  * spill source).
  *
  * Determinism: exactly row_number's — if the sort order is total the
  * result is the unique top-k; if not, ties keep an arbitrary winner,
  * the same nondeterminism the window spelling already has.
  */
case class GraftRowTopK(
    child: Expression,
    kExpr: Expression,
    ascending: Seq[Boolean],
    nullsFirst: Seq[Boolean],
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[mutable.PriorityQueue[InternalRow]] with BinaryLike[Expression] {

  private lazy val k: Int = kExpr.eval() match {
    case i: Int  => i
    case l: Long => l.toInt
    case other   => throw new IllegalArgumentException(
      s"GraftRowTopK k must be an integer literal, got $other")
  }

  private def structType: StructType = child.dataType.asInstanceOf[StructType]

  /** Heap ordering = the window's ORDER BY, bound to the struct's
    * leading fields. Codegen'd with interpreted fallback (round 19):
    * the heap only holds ≤ k+1 rows, but the ADMIT CHECK runs once
    * per input row — on a 100 TB scan an interpreted multi-key
    * compare per row is the hot-path cost the round-18 verdict
    * flagged. */
  @transient private lazy val ord: Ordering[InternalRow] = {
    val st = structType
    val sortOrders = ascending.indices.map { i =>
      SortOrder(
        BoundReference(i, st(i).dataType, st(i).nullable),
        if (ascending(i)) Ascending else Descending,
        if (nullsFirst(i)) NullsFirst else NullsLast,
        Seq.empty)
    }
    RowOrdering.create(sortOrders, Nil)
  }

  override def left: Expression  = child
  override def right: Expression = kExpr

  override def checkInputDataTypes(): TypeCheckResult = {
    if (!kExpr.foldable || (kExpr.dataType != IntegerType && kExpr.dataType != LongType)) {
      TypeCheckResult.TypeCheckFailure("GraftRowTopK k must be a foldable integer literal")
    } else child.dataType match {
      case st: StructType if ascending.nonEmpty && ascending.length == nullsFirst.length &&
          ascending.length <= st.length =>
        val bad = st.fields.take(ascending.length).filterNot(f => RowOrdering.isOrderable(f.dataType))
        if (bad.isEmpty) TypeCheckResult.TypeCheckSuccess
        else TypeCheckResult.TypeCheckFailure(
          s"GraftRowTopK sort keys must be orderable, got ${bad.map(_.dataType.sql).mkString(", ")}")
      case _ => TypeCheckResult.TypeCheckFailure(
        "GraftRowTopK takes a struct of [sort keys ++ payload] with per-key order flags")
    }
  }

  override def dataType: DataType = ArrayType(structType, containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "graft_row_topk"

  // max-heap on the sort order: head is the LAST-ranked kept row, the
  // one a better-ranked incoming row evicts
  override def createAggregationBuffer(): mutable.PriorityQueue[InternalRow] =
    new mutable.PriorityQueue[InternalRow]()(ord)

  private def offer(buffer: mutable.PriorityQueue[InternalRow], v: InternalRow): Unit = {
    if (buffer.size < k) buffer.enqueue(v)
    else if (ord.compare(v, buffer.head) < 0) {
      buffer.dequeue()
      buffer.enqueue(v)
    }
  }

  override def update(buffer: mutable.PriorityQueue[InternalRow], input: InternalRow): mutable.PriorityQueue[InternalRow] = {
    val v = child.eval(input).asInstanceOf[InternalRow]
    if (v != null && k > 0) {
      // copy only on admit — the 100 TB common path ("not in the top
      // k") must stay alloc-free; eval may return buffer-backed values
      if (buffer.size < k || ord.compare(v, buffer.head) < 0) {
        offer(buffer, v.copy())
      }
    }
    buffer
  }

  override def merge(buffer: mutable.PriorityQueue[InternalRow], other: mutable.PriorityQueue[InternalRow]): mutable.PriorityQueue[InternalRow] = {
    other.foreach(v => offer(buffer, v))
    buffer
  }

  override def eval(buffer: mutable.PriorityQueue[InternalRow]): Any =
    new GenericArrayData(buffer.toArray[InternalRow].sorted(ord).toArray[Any])

  // struct rows through an UnsafeProjection — the standard wire format
  // for typed imperative aggregates. Hoisted to an instance lazy val:
  // under ObjectHashAggregate's sort-fallback serialize runs per
  // buffer, exactly the memory-pressured path that must not pay
  // per-call projection setup.
  @transient private lazy val serProjection: UnsafeProjection =
    UnsafeProjection.create(structType)

  override def serialize(buffer: mutable.PriorityQueue[InternalRow]): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    val scratch = new Array[Byte](4096)
    try {
      buffer.foreach { v =>
        val unsafeRow = serProjection.apply(v)
        out.writeInt(unsafeRow.getSizeInBytes)
        unsafeRow.writeToStream(out, scratch)
      }
      out.writeInt(-1)
      out.flush()
      bos.toByteArray
    } finally {
      out.close()
      bos.close()
    }
  }

  override def deserialize(bytes: Array[Byte]): mutable.PriorityQueue[InternalRow] = {
    val in = new DataInputStream(new java.io.ByteArrayInputStream(bytes))
    try {
      val buffer = createAggregationBuffer()
      val numFields = structType.length
      var size = in.readInt()
      while (size >= 0) {
        val bs = new Array[Byte](size)
        in.readFully(bs)
        val row = new UnsafeRow(numFields)
        row.pointTo(bs, size)
        // each row points into its own byte array, so no copy needed
        buffer.enqueue(row)
        size = in.readInt()
      }
      buffer
    } finally in.close()
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): GraftRowTopK =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): GraftRowTopK =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): GraftRowTopK =
    copy(child = newLeft, kExpr = newRight)
}

/** The first row per group under an explicit multi-key sort order, in
  * a flat buffer — [[TopKRewrite]]'s shape for `row_number() = 1` (the
  * dedup, ReplacingMergeTree FINAL and `LIMIT 1 BY` spelling).
  *
  * The buffer is a `seen` flag, one slot per sort key and one slot per
  * payload column. Update and merge take the incoming row only when it
  * sorts STRICTLY before the buffered one under the window's exact
  * `SortOrder`s (direction, NULLS FIRST/LAST, Catalyst's comparison of
  * each key type), so every slot always comes from one input row, and
  * a tie keeps an arbitrary single winner, as `row_number` does. Being
  * declarative with fixed-width slots, it plans as a codegen'd
  * HashAggregate with map-side partial aggregation: no sort, no
  * per-key objects, no serialization. The rewrite picks it only when
  * `Aggregate.supportsHashAggregate` holds for its buffer; otherwise
  * Spark would plan a SortAggregate, and [[GraftRowTopK]] is used.
  *
  * The result is the payload as a struct `c0..cn`, each field as
  * nullable as its payload column.
  */
case class GraftRowFirst(
    sortKeys: Seq[Expression],
    payload: Seq[Expression],
    ascending: Seq[Boolean],
    nullsFirst: Seq[Boolean])
  extends DeclarativeAggregate {

  override def children: Seq[Expression] = sortKeys ++ payload
  override def nullable: Boolean = false
  override def dataType: DataType = StructType(payload.zipWithIndex.map { case (e, i) =>
    StructField(s"c$i", e.dataType, e.nullable)
  })
  override def prettyName: String = "graft_row_first"

  private lazy val seen = AttributeReference("seen", BooleanType, nullable = false)()
  private lazy val keySlots = sortKeys.indices.map(i => AttributeReference(s"k$i", sortKeys(i).dataType)())
  private lazy val valueSlots = payload.indices.map(i => AttributeReference(s"c$i", payload(i).dataType)())
  private lazy val slots = keySlots ++ valueSlots

  override lazy val aggBufferAttributes: Seq[AttributeReference] = seen +: slots
  override lazy val initialValues: Seq[Expression] =
    Literal(false) +: slots.map(s => Literal.create(null, s.dataType))

  override lazy val updateExpressions: Seq[Expression] = {
    val take = Or(Not(seen), before(sortKeys, keySlots))
    Literal(true) +: children.zip(slots).map { case (in, s) => If(take, in, s) }
  }

  override lazy val mergeExpressions: Seq[Expression] = {
    val take = And(seen.right, Or(Not(seen.left), before(keySlots.map(_.right), keySlots.map(_.left))))
    Or(seen.left, seen.right) +: slots.map(s => If(take, s.right, s.left))
  }

  // a group exists only once a row was taken, so a non-nullable
  // payload column's slot is set
  override lazy val evaluateExpression: Expression = CreateNamedStruct(
    payload.zip(valueSlots).zipWithIndex.flatMap { case ((e, s), i) =>
      Seq(Literal(s"c$i"), if (e.nullable) s else KnownNotNull(s))
    })

  /** `a` sorts strictly before `b`, lexicographically:
    * a0 ≺ b0 ∨ (¬(b0 ≺ a0) ∧ (a1 ≺ b1 ∨ …)). Keys tie exactly when
    * neither precedes the other, so -0.0/0.0 and NaN/NaN tie as they
    * do in a sort. */
  private def before(a: Seq[Expression], b: Seq[Expression]): Expression = {
    val steps = a.indices.map(i => (precedes(i, a(i), b(i)), precedes(i, b(i), a(i))))
    steps.init.foldRight(steps.last._1) { case ((ab, ba), rest) => Or(ab, And(Not(ba), rest)) }
  }

  private def precedes(i: Int, x: Expression, y: Expression): Expression = {
    val byNull = if (nullsFirst(i)) And(IsNull(x), IsNotNull(y)) else And(IsNotNull(x), IsNull(y))
    val byValue = if (ascending(i)) LessThan(x, y) else GreaterThan(x, y)
    Or(byNull, Coalesce(Seq(byValue, Literal(false))))
  }

  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): GraftRowFirst =
    copy(sortKeys = newChildren.take(sortKeys.length), payload = newChildren.drop(sortKeys.length))
}
