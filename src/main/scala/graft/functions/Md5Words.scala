package graft.functions

import java.security.MessageDigest

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, DataTypes, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** The four unsigned 32-bit words of md5(utf8(child)) as
  * `array<long>[4]` — the portable-hash primitive, computed from the
  * raw digest bytes.
  *
  * Word `w` equals the historical
  * `conv(substring(md5(s), w*8+1, 8), 16, 10)::long` BIT-FOR-BIT:
  * Spark's `md5()` hex string is the big-endian hex encoding of the
  * digest, so hex chars [8w+1, 8w+8] are exactly digest bytes
  * [4w, 4w+4) read as an unsigned big-endian 32-bit integer. The old
  * expression chain paid, per hash value, a hex-encode (32-char
  * string), a substring, and a `conv` radix parse — all string work
  * whole-stage codegen cannot remove — plus one `MessageDigest`
  * allocation per md5 call (commons-codec `DigestUtils`). This
  * expression digests once per row into a thread-local
  * `MessageDigest` and emits the four longs with shifts: no hex, no
  * `conv`, no per-call allocation beyond the result array. MinHash
  * banding (8 digests, 32 words per shingle), the df-capped shingle
  * joins (phash64 per shingle), SimHash, the hashing embedder and the
  * contamination n-gram keys all sit on this primitive (guide §4.1:
  * prefer codegen expressions on the hot path).
  *
  * DuckDB oracles keep reading the same words from `md5()` hex — the
  * VALUES are unchanged, so every persisted signature, band key and
  * join key is bit-identical (pinned in HashSpec).
  */
case class Md5Words(child: Expression) extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "md5_words"

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string input, got ${child.dataType.simpleString}")

  override def nullSafeEval(s: Any): Any =
    Md5Words.words(s.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Md5Words.words($c)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object Md5Words {
  // MessageDigest is stateful and not thread-safe; one per task thread,
  // reset implicitly by digest().
  private val mdTl: ThreadLocal[MessageDigest] =
    ThreadLocal.withInitial(() => MessageDigest.getInstance("MD5"))

  /** This thread's digest, shared by every md5 kernel in the package
    * (callers must leave it reset: `digest()` does). */
  private[functions] def digest: MessageDigest = mdTl.get()

  /** Digest the string's UTF-8 bytes and split into the 4 big-endian
    * unsigned 32-bit words (range [0, 2^32), non-negative longs). */
  def words(s: UTF8String): ArrayData = {
    val d = digest.digest(s.getBytes)
    val w = new Array[Long](4)
    var i = 0
    while (i < 4) {
      w(i) = word(d, i)
      i += 1
    }
    new GenericArrayData(w)
  }

  /** Word `i` of a raw digest: bytes [4i, 4i+4) as an unsigned
    * big-endian 32-bit integer. */
  def word(d: Array[Byte], i: Int): Long = {
    val o = i * 4
    ((d(o) & 0xffL) << 24) | ((d(o + 1) & 0xffL) << 16) |
      ((d(o + 2) & 0xffL) << 8) | (d(o + 3) & 0xffL)
  }
}
