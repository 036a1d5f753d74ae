package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.GraftColumnBridge.{toColumn, toExpr}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Fused winnowing kernel: tokens → n-gram shingles → seeded
  * [[PortableHash]] per shingle → sliding-window minimum, as ONE
  * compiled pass per document.
  *
  * The `functions._` formulation stacks three higher-order functions
  * (`transform(shingles(...), phash)` builds every shingle string,
  * `transform(sequence(...), i => array_min(slice(...)))` allocates a
  * slice per window), each evaluated per element in interpreted mode —
  * the probe-ranking lesson again (SURVEY §6): an HOF chain over a
  * corpus-sized map is an interpreter in the middle of a codegen plan.
  * This expression evaluates the token array once, walks its n-grams
  * through the same linear iteration as the [[Shingles]] kernel
  * (`Shingles.grams`), hashes each gram's bytes behind the seed prefix
  * (byte-identical to md5 of the `seed:shingle` string), and takes the
  * window minimum as a running scan — no hash-array or window-slice
  * intermediates. Values are BIT-IDENTICAL to the HOF chain
  * (spec-pinned), so the DuckDB oracle is untouched.
  *
  * Returns the windowed-min array (`array<long>`, one element per
  * shingle; empty when the doc has fewer than `n` tokens — the same
  * contract as `shingles()`), leaving distinct/min/max reporting to
  * ordinary collection functions on the answer-sized result.
  */
case class WinnowMins(child: Expression, n: Int, window: Int, seed: Int)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "winnow_mins"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<string>, got ${other.simpleString}")
  }

  override def nullSafeEval(toks: Any): Any =
    WinnowMins.compute(toks.asInstanceOf[ArrayData], n, window, seed)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.WinnowMins.compute($c, $n, $window, $seed);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object WinnowMins {

  def of(toks: Column, n: Int, window: Int, seed: Int): Column =
    toColumn(WinnowMins(toExpr(toks), n, window, seed))

  private val Empty = new GenericArrayData(Array.empty[Long])

  /** The compiled kernel; public static so generated code can call it. */
  def compute(toks: ArrayData, n: Int, window: Int, seed: Int): ArrayData = {
    val grams = Shingles.grams(toks, n)
    val m = grams.length
    if (m == 0) return Empty
    val md = Md5Words.digest
    val prefix = (seed.toString + ":").getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val hs = new Array[Long](m)
    var i = 0
    while (i < m) {
      md.update(prefix)
      md.update(grams(i).asInstanceOf[UTF8String].getBytes)
      // first 8 hex chars of the digest = word 0, unsigned — exactly
      // PortableHash.phash's conv(substring(md5, 1, 8), 16, 10)
      hs(i) = Md5Words.word(md.digest(), 0)
      i += 1
    }
    val wm = new Array[Long](m)
    var k = 0
    while (k < m) {
      var mn = hs(k)
      val end = math.min(k + window, m)
      var j = k + 1
      while (j < end) { if (hs(j) < mn) mn = hs(j); j += 1 }
      wm(k) = mn
      k += 1
    }
    new GenericArrayData(wm)
  }
}
