package graft.functions

import java.nio.charset.StandardCharsets

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.GraftColumnBridge.{toColumn, toExpr}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}

/** Broder MinHash signature of ONE document's shingle array, as one
  * compiled pass over the row: perm `4g + w` is word `w` of
  * md5("g:" + shingle) (see [[Md5Words]]), so a shingle costs
  * `numPerms / 4` digests and each perm keeps a running minimum.
  *
  * This is the signature the relational form computed by exploding one
  * (doc, shingle) row per shingle, hashing 32 columns per row and
  * re-grouping by doc through a shuffle; here the shingles never leave
  * their document's row, so the signature costs no exchange at all.
  * The minima are over the same hash values, so every signature, band
  * key and oracle hash is unchanged (KernelSpec pins it against an
  * elementwise-min aggregate kept in the test tree as the reference).
  *
  * Null for a null or empty array: a document with no shingle has no
  * signature, so its band keys are null and never collide.
  */
case class MinhashSig(child: Expression, numPerms: Int) extends UnaryExpression {
  require(numPerms > 0 && numPerms % 4 == 0, s"numPerms must be a positive multiple of 4, got $numPerms")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "minhash_sig"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<string>, got ${other.simpleString}")
  }

  override def nullSafeEval(shingles: Any): Any =
    MinhashSig.compute(shingles.asInstanceOf[ArrayData], numPerms)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    ev.copy(code = code"""
      ${c.code}
      ${CodeGenerator.javaType(dataType)} ${ev.value} = ${c.isNull} ? null :
        graft.functions.MinhashSig.compute(${c.value}, $numPerms);
      boolean ${ev.isNull} = ${ev.value} == null;""")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object MinhashSig {

  def of(shingles: Column, numPerms: Int): Column =
    toColumn(MinhashSig(toExpr(shingles), numPerms))

  /** The compiled kernel; public static so generated code can call it. */
  def compute(shingles: ArrayData, numPerms: Int): ArrayData = {
    val m = shingles.numElements()
    val groups = numPerms / 4
    val prefixes = Array.tabulate(groups)(g => s"$g:".getBytes(StandardCharsets.UTF_8))
    val sig = Array.fill(numPerms)(Long.MaxValue)
    val md = Md5Words.digest
    var seen = false
    var i = 0
    while (i < m) {
      if (!shingles.isNullAt(i)) {
        seen = true
        val bytes = shingles.getUTF8String(i).getBytes
        var g = 0
        while (g < groups) {
          md.update(prefixes(g))
          md.update(bytes)
          val d = md.digest()
          var w = 0
          while (w < 4) {
            val h = Md5Words.word(d, w)
            if (h < sig(g * 4 + w)) sig(g * 4 + w) = h
            w += 1
          }
          g += 1
        }
      }
      i += 1
    }
    if (seen) new GenericArrayData(sig) else null
  }
}
