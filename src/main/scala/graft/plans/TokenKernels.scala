package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, TernaryExpression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.array.ByteArrayMethods
import org.apache.spark.unsafe.types.UTF8String

/** One-pass per-DOCUMENT token kernels for corpus curation: token
  * statistics for the quality score and overlapping token chunks.
  *
  * Exists for the same reason as [[TextHashes]]: the compositional
  * formulation (`size(filter(split(…), …))`, `array_distinct`, and a
  * `transform(sequence(…), i => array_join(slice(split(…), …)))` per
  * chunk) runs as interpreted higher-order functions that split the
  * document once per use — four times for the score, once per CHUNK
  * for chunking. Here each document is tokenized once, straight from
  * its UTF-8 bytes.
  *
  * Tokens are exactly those of `split(text, " ", -1)`: the fields
  * between single 0x20 bytes, empty fields included (doubled, leading
  * or trailing spaces give empty tokens; tabs are token bytes). 0x20
  * never occurs inside a multibyte UTF-8 sequence, so byte offsets are
  * token boundaries for any valid UTF-8 input, and joining a run of
  * tokens with " " is the input's substring between its boundaries —
  * which is how chunks are emitted.
  */
object TokenKernels {
  val DefaultStopwords: Seq[String] = Seq("the", "a", "and", "of", "to", "is", "in", "it")

  private val stopBytes: Array[Array[Byte]] =
    DefaultStopwords.map(_.getBytes(java.nio.charset.StandardCharsets.UTF_8)).toArray

  val StatsType: StructType = StructType(Seq(
    StructField("n_tok", IntegerType, nullable = false),
    StructField("n_uniq", IntegerType, nullable = false),
    StructField("n_stop", IntegerType, nullable = false)))

  /** Start offset of every token, plus `len + 1` as a sentinel: token j
    * spans bytes [starts(j), starts(j + 1) - 1). Always >= 1 token. */
  private def tokenStarts(bytes: Array[Byte]): Array[Int] = {
    var spaces = 0
    var i = 0
    while (i < bytes.length) { if (bytes(i) == ' ') spaces += 1; i += 1 }
    val starts = new Array[Int](spaces + 2)
    var k = 1
    i = 0
    while (i < bytes.length) {
      if (bytes(i) == ' ') { starts(k) = i + 1; k += 1 }
      i += 1
    }
    starts(k) = bytes.length + 1
    starts
  }

  private def sameBytes(a: Array[Byte], aStart: Int, b: Array[Byte], bStart: Int, len: Int): Boolean =
    ByteArrayMethods.arrayEquals(
      a, Platform.BYTE_ARRAY_OFFSET + aStart, b, Platform.BYTE_ARRAY_OFFSET + bStart, len)

  /** (n_tok, n_uniq, n_stop): the sizes of `split(text, " ", -1)`, of
    * its `array_distinct`, and of its filter to [[DefaultStopwords]]
    * (with multiplicity). Distinctness is byte equality, as for
    * `array_distinct` under the default collation. */
  def stats(text: UTF8String): InternalRow = {
    val bytes = text.getBytes
    val starts = tokenStarts(bytes)
    val n = starts.length - 1
    var cap = 4
    while (cap < 2 * n) cap <<= 1
    val slots = new Array[Int](cap) // token index + 1; 0 = empty
    var nUniq = 0
    var nStop = 0
    var j = 0
    while (j < n) {
      val s = starts(j)
      val len = starts(j + 1) - 1 - s
      if (stopBytes.exists(sw => sw.length == len && sameBytes(bytes, s, sw, 0, len))) nStop += 1
      val h = XXH64.hashUnsafeBytes(bytes, Platform.BYTE_ARRAY_OFFSET + s, len, TextHashes.TokenSeed)
      var slot = (h ^ (h >>> 32)).toInt & (cap - 1)
      var probing = true
      while (probing) {
        val t = slots(slot) - 1
        if (t < 0) {
          slots(slot) = j + 1
          nUniq += 1
          probing = false
        } else if (starts(t + 1) - 1 - starts(t) == len && sameBytes(bytes, starts(t), bytes, s, len)) {
          probing = false
        } else slot = (slot + 1) & (cap - 1)
      }
      j += 1
    }
    new GenericInternalRow(Array[Any](n, nUniq, nStop))
  }

  /** Token windows [i·stride, i·stride + chunkLen), stride = chunkLen −
    * overlap, for i < max(1, ceil((n − overlap) / stride)): the final
    * partial window is kept iff it adds tokens, and a document always
    * yields at least one chunk (a null document one null chunk). Each
    * chunk is a substring view of the document's bytes. */
  def chunks(text: UTF8String, chunkLen: Int, overlap: Int): ArrayData = {
    if (text == null) return new GenericArrayData(Array[Any](null))
    val bytes = text.getBytes
    val starts = tokenStarts(bytes)
    val n = starts.length - 1
    val stride = chunkLen - overlap
    val nChunks = if (n <= overlap) 1 else (n - overlap + stride - 1) / stride
    val out = new Array[Any](nChunks)
    var i = 0
    while (i < nChunks) {
      val first = i * stride
      val end = math.min(first + chunkLen, n)
      out(i) = UTF8String.fromBytes(bytes, starts(first), starts(end) - 1 - starts(first))
      i += 1
    }
    new GenericArrayData(out)
  }
}

/** `graft_token_stats(text)` → struct<n_tok, n_uniq, n_stop>; null
  * text gives null (as `size(null)` under ANSI). */
case class TokenStats(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType != StringType)
      TypeCheckResult.TypeCheckFailure("graft_token_stats requires a string column")
    else TypeCheckResult.TypeCheckSuccess

  override def dataType: DataType = TokenKernels.StatsType
  override def prettyName: String = "graft_token_stats"

  override protected def nullSafeEval(text: Any): Any =
    TokenKernels.stats(text.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, t => s"graft.plans.TokenKernels.stats($t)")

  override protected def withNewChildInternal(c: Expression): TokenStats = copy(child = c)
}

/** `graft_chunks(text, chunkLen, overlap)` → array<string>: see
  * [[TokenKernels.chunks]]. Never null: a null text is one null chunk,
  * the value the compositional form gives. */
case class TokenChunks(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = {
    import TextHashes.requireFoldableInt
    if (first.dataType != StringType)
      TypeCheckResult.TypeCheckFailure("graft_chunks requires a string column")
    else Seq(requireFoldableInt(second, "chunkLen"), requireFoldableInt(third, "overlap"))
      .find(_ != TypeCheckResult.TypeCheckSuccess).getOrElse {
        if (overlap >= 0 && overlap < chunkLen) TypeCheckResult.TypeCheckSuccess
        else TypeCheckResult.TypeCheckFailure(
          s"graft_chunks needs 0 <= overlap < chunkLen, got ($chunkLen, $overlap)")
      }
  }

  override def dataType: DataType = ArrayType(StringType, containsNull = first.nullable)
  override def nullable: Boolean = false
  override def prettyName: String = "graft_chunks"

  private lazy val chunkLen = second.eval().asInstanceOf[Int]
  private lazy val overlap = third.eval().asInstanceOf[Int]

  override def eval(input: InternalRow): Any =
    TokenKernels.chunks(first.eval(input).asInstanceOf[UTF8String], chunkLen, overlap)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val text = first.genCode(ctx)
    ev.copy(code = code"""
      |${text.code}
      |${classOf[ArrayData].getName} ${ev.value} = graft.plans.TokenKernels.chunks(
      |  ${text.isNull} ? null : ${text.value}, $chunkLen, $overlap);""".stripMargin,
      isNull = FalseLiteral)
  }

  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression): TokenChunks = copy(f, s, t)
}
