package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** Word n-gram kernel: the `n`-token windows of a token array, each
  * joined by single spaces, built in ONE linear pass per document.
  *
  * The `functions._` formulation was
  * `transform(sequence(0, size(toks) - n), i => array_join(slice(toks, i + 1, n), " "))`.
  * A lambda body re-evaluates every column it references, so with
  * `toks = tokens(text)` inlined by the optimizer the whole
  * lower/trim/split/filter tokenizer ran once PER SHINGLE, and each
  * window paid an interpreted slice + join. Here the child is evaluated
  * once, each token's UTF-8 bytes are read once, and every gram is one
  * byte copy. Values are BIT-IDENTICAL to the lambda form (KernelSpec
  * keeps that form as the reference), so every oracle is untouched.
  *
  * Contract (the lambda form's): fewer than `n` tokens, or a null
  * array, gives an empty array; a null element is skipped the way
  * `array_join` skips it.
  */
case class Shingles(child: Expression, n: Int) extends UnaryExpression {
  require(n >= 1, s"n-gram width must be positive, got $n")

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "shingles"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<string>, got ${other.simpleString}")
  }

  override def eval(input: InternalRow): Any =
    Shingles.compute(child.eval(input).asInstanceOf[ArrayData], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    ev.copy(code = code"""
      ${c.code}
      ${CodeGenerator.javaType(dataType)} ${ev.value} =
        graft.functions.Shingles.compute(${c.isNull} ? null : ${c.value}, $n);""",
      isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object Shingles {

  private val Empty = new GenericArrayData(Array.empty[Any])
  private val Space = ' '.toByte

  /** The compiled kernel; public static so generated code can call it. */
  def compute(toks: ArrayData, n: Int): ArrayData =
    if (toks == null) Empty
    else {
      val g = grams(toks, n)
      if (g.length == 0) Empty else new GenericArrayData(g)
    }

  /** The n-gram iteration every gram-consuming kernel shares: the
    * `count - n + 1` windows of `toks` as space-joined `UTF8String`s
    * (held as `Any`, Spark's internal array representation), empty when
    * there are fewer than `n` tokens. */
  def grams(toks: ArrayData, n: Int): Array[Any] = {
    val count = toks.numElements()
    val m = count - n + 1
    if (m <= 0) return Array.empty[Any]
    val words = new Array[UTF8String](count)
    var k = 0
    while (k < count) {
      if (!toks.isNullAt(k)) words(k) = toks.getUTF8String(k)
      k += 1
    }
    val out = new Array[Any](m)
    var i = 0
    while (i < m) {
      var len = 0
      var parts = 0
      var j = 0
      while (j < n) {
        val w = words(i + j)
        if (w != null) { len += w.numBytes(); parts += 1 }
        j += 1
      }
      val buf = new Array[Byte](len + math.max(parts - 1, 0))
      var o = 0
      var first = true
      j = 0
      while (j < n) {
        val w = words(i + j)
        if (w != null) {
          if (!first) { buf(o) = Space; o += 1 }
          w.writeToMemory(buf, Platform.BYTE_ARRAY_OFFSET + o)
          o += w.numBytes()
          first = false
        }
        j += 1
      }
      out(i) = UTF8String.fromBytes(buf)
      i += 1
    }
    out
  }
}
